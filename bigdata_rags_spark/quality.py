"""Corpus quality gating: Gopher-style repetition / diversity filters.

Public-knowledge provenance: the rule family (word-count bounds, repeated
n-gram fractions, lexical-diversity floors) is from Rae et al. 2021
("Scaling Language Models: ... Gopher", arXiv:2112.11446, Table A1) and the
C4 cleaning heuristics (Raffel et al. 2020).  Not present in the reference
repo — this is part of the LLM-training-data extension tier mandated by
BASELINE.json's north star.

Line-based Gopher rules (duplicate-line fraction, bullet/ellipsis line
fractions) are intentionally not implemented against the synthetic fixtures,
which contain no newlines or symbols — a check that can never fire proves
nothing (vacuous-oracle rule).  The repetition subset below has
measured signal on the fixture at every threshold.

100 TB design: every statistic comes from the token array in the row that
already holds it (``size``, ``array_distinct`` and the longest run of equal
neighbours in ``array_sort``), so the gate is one narrow projection: no
explode, no shuffle, no windows, no UDFs, no driver actions.  Output ratios
are ROUND()ed inside the plan so the keep flag is float-parity-stable across
engines (see catalog.py module docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_rags_spark.functions.text import ws_tokens


def _top_count(grams: Column) -> Column:
    """How often the most frequent element of ``grams`` occurs: the longest
    run of equal neighbours in the sorted array (0 for an empty array)."""

    def step(acc: Column, x: Column) -> Column:
        run = F.when(acc["prev"] == x, acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["top"], run).alias("top")
        )

    start = F.struct(
        F.lit(None).cast("string").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("top")
    )
    return F.aggregate(F.array_sort(grams), start, step, lambda acc: acc["top"])


def repetition_quality(
    docs: DataFrame,
    *,
    min_words: int = 30,
    max_top_unigram: float = 0.15,
    min_distinct_ratio: float = 0.35,
    max_top_bigram: float = 0.08,
) -> DataFrame:
    """Per-document repetition/diversity features + keep/drop flag.

    Returns ``doc_id, n_words, n_distinct, top_unigram_frac, distinct_ratio,
    top_bigram_frac, keep_flag`` (keep_flag is 0/1 BIGINT; ratios rounded to
    6 places before thresholding so both engines gate on identical values),
    one row per document (``doc_id`` is a key).  The counts come from the
    document's token array in one narrow pass: ``n_words`` is its size,
    ``n_distinct`` the size of ``array_distinct``, and the top unigram and
    bigram counts the longest runs in the sorted token and bigram arrays.
    A document with NULL text has no token array and drops out — mirrored
    by the oracle SQL, where ``unnest(NULL)`` yields no rows.  Empty text
    is one ``""`` token (``split`` semantics, in both engines).
    Documents with a single token (no bigrams) still get a row — the bigram
    fraction is 0 and the word-count floor zeroes the flag; a quality
    gate must not silently pass over exactly the most pathological docs.
    """
    toks = F.col("toks")
    n1 = F.size(toks) - F.lit(1)
    bgs = F.zip_with(
        F.slice(toks, 1, n1), F.slice(toks, 2, n1), lambda a, b: F.concat(a, F.lit(" "), b)
    )
    t = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", ws_tokens(F.col("text")).alias("toks")
    )
    us = t.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        _top_count(toks).alias("top_c"),
        n1.alias("n_bigrams"),
        _top_count(bgs).alias("top_bc"),
    )
    m = us.select(
        "doc_id",
        "n_words",
        "n_distinct",
        F.round(F.col("top_c") / F.nullif(F.col("n_words"), F.lit(0)).cast("double"), 6).alias(
            "top_unigram_frac"
        ),
        F.round(
            F.col("n_distinct") / F.nullif(F.col("n_words"), F.lit(0)).cast("double"), 6
        ).alias("distinct_ratio"),
        F.coalesce(
            F.round(
                F.col("top_bc") / F.nullif(F.col("n_bigrams"), F.lit(0)).cast("double"), 6
            ),
            F.lit(0.0),
        ).alias("top_bigram_frac"),
    )
    return m.select(
        "*",
        F.when(
            (F.col("n_words") >= min_words)
            & (F.col("top_unigram_frac") <= max_top_unigram)
            & (F.col("distinct_ratio") >= min_distinct_ratio)
            & (F.col("top_bigram_frac") <= max_top_bigram),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("keep_flag"),
    )


# ---------------------------------------------------------------------------
# Linear (fastText-style) quality classifier with literal weights
# ---------------------------------------------------------------------------

QCLF_BUCKETS = 64
QCLF_BIAS_MICRO = 25_000


def qclf_weights() -> list[int]:
    """The literal weight table of the linear classifier: one integer-micro
    weight per hashed-feature bucket, derived deterministically from md5 so
    both engines (and tests) can regenerate it byte-identically.  In a real
    pipeline these are the trained parameters shipped as data — exactly how
    the reference ships its 30 metric formulas (functions/metrics.py)."""
    import hashlib

    return [
        int(hashlib.md5(f"qclf:{j}".encode()).hexdigest()[:6], 16) % 1_000_001
        - 500_000
        for j in range(QCLF_BUCKETS)
    ]


def quality_classifier_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """fastText-style linear quality scorer (Joulin et al. 2016, "Bag of
    Tricks for Efficient Text Classification") — the industry-standard
    learned gate the heuristic LM scorers approximate (CCNet/LLaMA-style
    quality filtering): hashed unigram features -> literal weight lookup ->
    mean-pool -> sigmoid.

    All arithmetic is integer micro-units in a fixed op order so the score
    is engine-exact (the PQ/LSH fold discipline):

    - bucket  = int(md5(token)[:4], 16) % 64
    - raw     = SUM(weight[bucket])                 (exact integer sum)
    - mean    = (raw + 500000*n) div n - 500000     (offset keeps the
      integer division non-negative: Spark ``div`` truncates toward zero
      while DuckDB ``//`` floors, so a negative numerator would diverge)
    - z_micro = bias + mean
    - prob    = fast sigmoid 0.5 + 0.5*z/(1+|z|) as
      (500000*(1000000+|z|+z)) div (1000000+|z|) — a monotone rational
      squash in (0,1) using only +,*,abs,div (exact in both engines;
      exp() last-ulp behavior differs between libm and the JVM, so the
      logistic itself is NOT oracle-safe).

    Returns ``(id_col, n_tokens, z_micro, prob_micro, keep)`` with
    ``keep = 1`` iff prob_micro >= 500000 (z >= 0).

    Scale shape: explode -> 64-way literal array lookup (one ``element_at``
    per token, codegen'd — NOT a 64-branch CASE) -> partial+final hash agg
    on doc_id; only (doc_id, bucket) pairs shuffle, text never moves."""
    w_lit = F.array(*[F.lit(w) for w in qclf_weights()])
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ws_tokens(F.col(text_col))).alias("token"),
    )
    feat = toks.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("token"), 1, 4), 16, 10).cast("int")
            % QCLF_BUCKETS
        ).alias("b"),
    )
    pooled = feat.select(
        "doc_id", F.element_at(w_lit, F.col("b") + 1).cast("bigint").alias("w")
    ).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("w").cast("bigint").alias("raw"),
    )
    z = pooled.select(
        "doc_id",
        "n_tokens",
        (
            F.lit(QCLF_BIAS_MICRO)
            + F.expr("(raw + 500000 * n_tokens) div n_tokens")
            - F.lit(500_000)
        ).cast("bigint").alias("z_micro"),
    )
    return z.select(
        F.col("doc_id").alias(id_col),
        "n_tokens",
        "z_micro",
        F.expr(
            "(500000 * (1000000 + abs(z_micro) + z_micro))"
            " div (1000000 + abs(z_micro))"
        ).cast("bigint").alias("prob_micro"),
        F.when(F.col("z_micro") >= 0, F.lit(1)).otherwise(F.lit(0))
        .cast("bigint")
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# TRAINED quality classifier: Naive-Bayes count-ratio fit (NBSVM weights)
# ---------------------------------------------------------------------------

NB_BUCKETS = 64
NB_SCALE = 1_000_000


def _nb_bucket(token: F.Column) -> F.Column:
    # identical hashed-feature bucketing to quality_classifier_scores —
    # the "existing hashed-feature scan" the trained weights plug into
    return (
        F.conv(F.substring(F.md5(token), 1, 4), 16, 10).cast("int") % NB_BUCKETS
    )


def nb_fit_weights(
    labeled: DataFrame, text_col: str = "text", label_col: str = "y"
) -> DataFrame:
    """FIT the quality classifier from labeled seed docs — the distributed
    multinomial-Naive-Bayes count stage: the literal-weight
    `quality_classifier_scores` gains the train half of the train->score
    loop the tokenizers already have (train->encode).

    Per hashed-feature bucket b the fit computes the per-class token
    occurrence counts and the NBSVM log-count-ratio weight (Wang & Manning
    2012, "Baselines and Bigrams" — NB count-ratio features are the strong
    linear-classifier baseline fastText reimplements at scale), quantized
    engine-exactly WITHOUT ln(): with add-1-smoothed class rates
    ``r_c = (c_c + 1) / (T_c + B)`` in integer micros, the stored weight is

        w = (r1 - r0) / (r1 + r0)  ==  tanh( ln(r1/r0) / 2 )

    — a bounded, odd, strictly monotone transform of the NB log-odds
    (same sign, same ranking), computed as ``(2e6 * r1) div (r1 + r0) -
    1e6`` so every numerator stays non-negative (Spark ``div`` truncates
    toward zero while DuckDB ``//`` floors — the catalog.py gotcha) and
    nothing exceeds ~2e12 (int64-safe at any corpus size because rates,
    not counts, enter the division).  ln() itself is NOT oracle-safe (libm
    vs JVM last-ulp drift), which is why the tanh-of-half-log-odds
    quantization is stored instead.

    Returns exactly ``NB_BUCKETS`` rows ``(b int, c0, c1, r0_micro,
    r1_micro, w_micro)`` — absent buckets appear with zero counts via the
    bucket spine so smoothing applies uniformly.

    100-TB shape: one explode -> (bucket) hash agg with map-side partials
    (only (bucket, y-flag) pairs shuffle, 64 distinct keys), one 64-row
    spine left-join, one broadcast 1-row totals join.  The fit output is
    dimension-bounded (64 rows) regardless of corpus size.
    """
    toks = labeled.select(
        F.col(label_col).alias("y"),
        F.explode(ws_tokens(F.col(text_col))).alias("token"),
    )
    cnt = (
        toks.select("y", _nb_bucket(F.col("token")).alias("b"))
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("y") == 0, 1).otherwise(0)).cast("bigint").alias("c0"),
            F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).cast("bigint").alias("c1"),
        )
    )
    spine = labeled.sparkSession.range(NB_BUCKETS).select(
        F.col("id").cast("int").alias("b")
    )
    full = spine.join(cnt, "b", "left").select(
        "b",
        F.coalesce(F.col("c0"), F.lit(0)).cast("bigint").alias("c0"),
        F.coalesce(F.col("c1"), F.lit(0)).cast("bigint").alias("c1"),
    )
    tot = full.agg(
        F.sum("c0").cast("bigint").alias("t0"), F.sum("c1").cast("bigint").alias("t1")
    )
    rates = full.crossJoin(F.broadcast(tot)).select(
        "b",
        "c0",
        "c1",
        F.expr(f"({NB_SCALE} * (c0 + 1)) div (t0 + {NB_BUCKETS})")
        .cast("bigint")
        .alias("r0_micro"),
        F.expr(f"({NB_SCALE} * (c1 + 1)) div (t1 + {NB_BUCKETS})")
        .cast("bigint")
        .alias("r1_micro"),
    )
    return rates.select(
        "b",
        "c0",
        "c1",
        "r0_micro",
        "r1_micro",
        F.expr(f"({2 * NB_SCALE} * r1_micro) div (r1_micro + r0_micro) - {NB_SCALE}")
        .cast("bigint")
        .alias("w_micro"),
    )


def nb_score_docs(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SCORE docs with fitted ``nb_fit_weights`` output — the linear scan
    half of the trained train->score loop: hashed unigram buckets joined to
    the broadcast 64-row weight table, summed per doc.

    Returns ``(id_col, n_tokens, score_micro, mean_micro, keep)`` with
    ``mean_micro = score div n`` via the non-negative-offset idiom and
    ``keep = 1`` iff the summed evidence is non-negative (class-1 wins
    under the tanh-quantized log-odds — same decision as true NB because
    tanh is sign-preserving and strictly monotone per bucket; only the
    relative magnitude mixing across buckets is the documented
    approximation).

    100-TB shape: one explode -> broadcast join against 64 rows -> (doc)
    hash agg with map-side partials; text never shuffles.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ws_tokens(F.col(text_col))).alias("token"),
    )
    scored = (
        toks.select("doc_id", _nb_bucket(F.col("token")).alias("b"))
        .join(F.broadcast(weights.select("b", "w_micro")), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("w_micro").cast("bigint").alias("score_micro"),
        )
    )
    return scored.select(
        F.col("doc_id").alias(id_col),
        "n_tokens",
        "score_micro",
        F.expr(f"(score_micro + {NB_SCALE} * n_tokens) div n_tokens - {NB_SCALE}")
        .cast("bigint")
        .alias("mean_micro"),
        F.when(F.col("score_micro") >= 0, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("keep"),
    )


#: hashed-bigram feature width of the DSIR importance model — wider than
#: NB_BUCKETS because bigram space is larger and collisions blur the
#: target/raw contrast the ratio estimates.
DSIR_BUCKETS = 1024


def dsir_importance_weights(
    target_docs: DataFrame, raw_docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Fit DSIR hashed-ngram importance weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): per hashed
    BIGRAM bucket b, the add-one-smoothed TARGET-distribution rate
    ``tp = (tc + 1) / (T + B)`` against the RAW-corpus rate ``rp``, stored
    as the engine-exact tanh-of-half-log-ratio quantization the NB fit
    uses (``w = (tp - rp) / (tp + rp) == tanh(ln(tp/rp)/2)`` — same sign
    and ranking as the log importance ratio, no ln() in either engine).

    This is the GENERATIVE counterpart of the discriminative NB gate
    (`nb_fit_weights`), and differs from it on all three axes that matter:
    features are word BIGRAMS (domain shows up in collocations — "the
    court held" vs "stir the sauce" — which unigram stopword buckets
    cannot see), the contrast is target-domain vs raw-corpus (no labels;
    the raw marginal replaces the negative class), and the output is a
    RESAMPLING weight, not a keep/drop boundary.  The planted separation
    test pins the practical difference: a lexically fluent English doc the
    NB quality gate keeps is down-weighted by DSIR when its bigrams are
    foreign to the target domain.

    Returns exactly ``DSIR_BUCKETS`` rows (b, tc, rc, tp_micro, rp_micro,
    w_micro).  100-TB shape: two explode -> (bucket) hash aggs with
    map-side partials (DSIR_BUCKETS distinct keys), one spine left-join,
    one broadcast totals join — dimension-bounded output."""
    from bigdata_rags_spark.functions.text import word_shingles, ws_tokens

    def bucket_counts(docs: DataFrame, out: str) -> DataFrame:
        bg = docs.select(
            F.explode(word_shingles(ws_tokens(F.col(text_col)), 2)).alias("bigram")
        )
        return bg.select(_dsir_bucket(F.col("bigram")).alias("b")).groupBy("b").agg(
            F.count(F.lit(1)).cast("bigint").alias(out)
        )

    spine = target_docs.sparkSession.range(DSIR_BUCKETS).select(
        F.col("id").cast("int").alias("b")
    )
    full = (
        spine.join(bucket_counts(target_docs, "tc"), "b", "left")
        .join(bucket_counts(raw_docs, "rc"), "b", "left")
        .select(
            "b",
            F.coalesce(F.col("tc"), F.lit(0)).cast("bigint").alias("tc"),
            F.coalesce(F.col("rc"), F.lit(0)).cast("bigint").alias("rc"),
        )
    )
    tot = full.agg(
        F.sum("tc").cast("bigint").alias("tt"), F.sum("rc").cast("bigint").alias("rt")
    )
    rates = full.crossJoin(F.broadcast(tot)).select(
        "b",
        "tc",
        "rc",
        F.expr(f"({NB_SCALE} * (tc + 1)) div (tt + {DSIR_BUCKETS})")
        .cast("bigint")
        .alias("tp_micro"),
        F.expr(f"({NB_SCALE} * (rc + 1)) div (rt + {DSIR_BUCKETS})")
        .cast("bigint")
        .alias("rp_micro"),
    )
    return rates.select(
        "b",
        "tc",
        "rc",
        "tp_micro",
        "rp_micro",
        F.expr(f"({2 * NB_SCALE} * tp_micro) div (tp_micro + rp_micro) - {NB_SCALE}")
        .cast("bigint")
        .alias("w_micro"),
    )


def _dsir_bucket(bigram: F.Column) -> F.Column:
    return (
        F.conv(F.substring(F.md5(bigram), 1, 4), 16, 10).cast("int") % DSIR_BUCKETS
    )


def dsir_doc_scores(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score docs under fitted ``dsir_importance_weights``: per-doc summed
    and mean bucket weight (the quantized log importance ratio), plus the
    strictly positive ``weight`` column (= mean + NB_SCALE + 1, in
    [1, 2e6+1]) that feeds ``operators/sampling.priority_sample`` — a
    monotone transform of the importance ratio, so higher-ratio docs draw
    proportionally more priority mass, which is DSIR's importance
    RESAMPLING step in the repo's deterministic integer form.  Docs with
    fewer than 2 tokens have no bigrams and produce no row (documented —
    an importance model over bigrams has no opinion on them).

    100-TB shape: one explode -> broadcast join against DSIR_BUCKETS rows
    -> (doc) hash agg; text never shuffles."""
    from bigdata_rags_spark.functions.text import word_shingles, ws_tokens

    bg = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(ws_tokens(F.col(text_col)), 2)).alias("bigram"),
    )
    scored = (
        bg.select("doc_id", _dsir_bucket(F.col("bigram")).alias("b"))
        .join(F.broadcast(weights.select("b", "w_micro")), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("w_micro").cast("bigint").alias("imp_micro"),
        )
    )
    return scored.select(
        F.col("doc_id").alias(id_col),
        "n_bigrams",
        "imp_micro",
        F.expr(f"(imp_micro + {NB_SCALE} * n_bigrams) div n_bigrams - {NB_SCALE}")
        .cast("bigint")
        .alias("mean_imp_micro"),
        F.expr(
            f"(imp_micro + {NB_SCALE} * n_bigrams) div n_bigrams - {NB_SCALE}"
            f" + {NB_SCALE} + 1"
        )
        .cast("bigint")
        .alias("weight"),
    )


def ngram_diversity_report(
    docs: DataFrame,
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2, 3, 4),
) -> DataFrame:
    """Corpus n-gram diversity report — the mode-collapse / self-repetition
    audit for synthetic-data pipelines (the aggregate cousin of Self-BLEU:
    distinct-n, Li et al. 2016): for each n, total n-gram occurrences,
    distinct n-grams, the distinct ratio, and the single hottest n-gram's
    share, all in integer micro-units.  A generated corpus that collapsed
    onto templates shows cratering distinct ratios and spiking top shares
    as n grows; natural corpora keep distinct-4 near 1e6.

    ONE corpus scan for all |ns| orders: every doc emits its n-tagged
    grams from a single fused explode (measured r12 at sf0.1: the per-n
    four-scan version benched 7.5 s; the fused pass runs 1.2-1.4 s warm),
    then one (n, gram) hash agg and one per-n rollup — no joins, no
    windows.

    Extension beyond the reference (no text surface — SURVEY.md §2
    extension tier)."""
    from bigdata_rags_spark.functions.text import word_shingles, ws_tokens

    toks = ws_tokens(F.col(text_col))

    # NB: a closure factory, NOT a default-arg lambda — F.transform treats
    # a two-parameter lambda as (element, index), which would silently
    # rebind n to the gram's array position
    def _tag(n: int):
        return lambda g: F.struct(F.lit(n).cast("int").alias("n"), g.alias("gram"))

    tagged = F.flatten(
        F.array(*[F.transform(word_shingles(toks, n), _tag(n)) for n in ns])
    )
    grams = docs.select(F.explode(tagged).alias("x")).select("x.n", "x.gram")
    per_gram = grams.groupBy("n", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    return (
        per_gram.groupBy("n")
        .agg(
            F.sum("cnt").cast("bigint").alias("total_ngrams"),
            F.count(F.lit(1)).cast("bigint").alias("distinct_ngrams"),
            F.max("cnt").cast("bigint").alias("__maxc"),
        )
        .select(
            "n",
            "total_ngrams",
            "distinct_ngrams",
            F.expr("distinct_ngrams * 1000000 DIV total_ngrams")
            .cast("bigint")
            .alias("diversity_micro"),
            F.expr("__maxc * 1000000 DIV total_ngrams")
            .cast("bigint")
            .alias("top_share_micro"),
        )
    )


def compression_ratio_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
    min_ratio_micro: int = 250_000,
) -> DataFrame:
    """zlib compression-ratio quality signal — the Dolma/RefinedWeb gate
    the heuristic repetition scorers approximate from the other side:
    templated/looped text compresses far below natural prose, and a
    near-zero ratio is the strongest cheap "machine-generated spam" flag
    there is (conversely, ratios near 1 flag binary/garbled payloads).

    Returns (id, raw_bytes, compressed_bytes, ratio_micro, keep) with
    ``ratio_micro = compressed * 1e6 DIV max(raw, 1)`` and ``keep = 1``
    iff ratio_micro >= min_ratio_micro.  DETERMINISTIC (zlib with a fixed
    level is bit-stable for a given input) but not SQL-expressible, so
    the registered query is rows-only by nature — correctness is pinned
    by an exact python-replay test instead (the GK/HLL sketch precedent).

    Arrow-batched mapInPandas (the multimodal-codec seam — zlib is the
    codec here); one linear scan, no shuffle at all.
    """
    from typing import Iterator

    import pandas as pd

    schema = f"{id_col} long, raw_bytes long, compressed_bytes long, ratio_micro long, keep int"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for pdf in batches:
            out = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                raw = ("" if text is None else str(text)).encode("utf-8")
                comp = zlib.compress(raw, level)
                ratio = len(comp) * 1_000_000 // max(len(raw), 1)
                out.append(
                    (did, len(raw), len(comp), ratio, 1 if ratio >= min_ratio_micro else 0)
                )
            yield pd.DataFrame(
                out,
                columns=[id_col, "raw_bytes", "compressed_bytes", "ratio_micro", "keep"],
            )

    return docs.select(id_col, text_col).mapInPandas(score, schema)


def nb_calibration_bins(
    docs: DataFrame,
    weights: DataFrame,
    label_col: str = "y",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins for the trained NB classifier on a labeled
    HELD-OUT split — the calibration audit every quality gate runs before
    trusting classifier probabilities as sampling weights (Guo et al. 2017
    "On Calibration of Modern Neural Networks"; the reliability diagram /
    ECE decomposition is the standard public report).

    Per document the mean evidence becomes a probability proxy through the
    same rational sigmoid as `quality_classifier_scores` —
    ``p = 500000 * (1e6 + |m| + m) div (1e6 + |m|)`` micro, exact integer
    math — then docs bin by probability decile and each bin reports
    predicted vs empirical: (bin int, n_docs, n_pos, mean_prob_micro,
    emp_rate_micro, gap_micro).  |gap| summed with bin mass is ECE; a
    well-calibrated scorer keeps gap near 0 in every populated bin.

    100-TB shape: one scoring scan (`nb_score_docs`) + one n_bins-group
    hash agg; the report is n_bins rows.
    """
    scored = nb_score_docs(
        docs.select(F.col(id_col), F.col(text_col)), weights, id_col, text_col
    )
    labeled = scored.join(
        docs.select(F.col(id_col), F.col(label_col).cast("bigint").alias("y")),
        id_col,
    )
    prob = (
        "CAST((500000 * (1000000 + abs(mean_micro) + mean_micro))"
        " div (1000000 + abs(mean_micro)) AS BIGINT)"
    )
    binned = labeled.select(
        "y",
        F.expr(prob).alias("prob_micro"),
    ).withColumn(
        "bin",
        F.least(
            F.expr(f"prob_micro * {n_bins} div 1000000"), F.lit(n_bins - 1)
        ).cast("int"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.expr("SUM(prob_micro) div COUNT(*)").cast("bigint").alias(
                "mean_prob_micro"
            ),
            F.expr("SUM(y) * 1000000 div COUNT(*)").cast("bigint").alias(
                "emp_rate_micro"
            ),
        )
        .withColumn(
            "gap_micro",
            (F.col("mean_prob_micro") - F.col("emp_rate_micro")).cast("bigint"),
        )
        .select("bin", "n_docs", "n_pos", "mean_prob_micro", "emp_rate_micro", "gap_micro")
    )


def binary_agreement_report(flags: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Cohen's kappa between two binary keep/drop gates — ONE row:
    (n, n11, n10, n01, n00, po_micro, pe_micro, kappa_milli).  All integer
    arithmetic (micro agreement rates, milli kappa); truncation-toward-zero
    division agrees between Spark DIV and DuckDB // for either sign, so
    negative kappa is hash-safe.  kappa_milli is NULL when chance
    agreement is exactly 1 (both gates constant) — the undefined case.

    The gate-stacking audit (`gate_agreement_kappa`): kappa near 0 means
    the gates cut complementary subsets (stacking changes the corpus);
    near 1000 means one gate is redundant.  Scale: input is an id-level
    flag frame; this is one global aggregate.  The pe_micro pairwise
    products route through DECIMAL(38,0) (HUGEINT in the oracle): the
    marginal-product sum reaches ~2*n^2, so the *1e6 multiply overflows
    bigint at n ~ 2.1M rows under the ANSI session — the eval_bradley_terry
    overflow class."""
    j = flags.select(
        F.col(a_col).cast("int").alias("a"), F.col(b_col).cast("int").alias("b")
    )
    cm = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("bigint").alias("n00"),
    )
    rates = cm.select(
        "*",
        F.expr("(n11 + n00) * 1000000 DIV n").cast("bigint").alias("po_micro"),
        F.expr(
            "(CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)"
            " + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00)) * 1000000"
            " DIV (CAST(n AS DECIMAL(38,0)) * n)"
        )
        .cast("bigint")
        .alias("pe_micro"),
    )
    return rates.select(
        "n", "n11", "n10", "n01", "n00", "po_micro", "pe_micro",
        F.expr("(po_micro - pe_micro) * 1000 DIV nullif(1000000 - pe_micro, 0)")
        .cast("bigint")
        .alias("kappa_milli"),
    )


def score_threshold_ablation(
    scored: DataFrame,
    thresholds: tuple[int, ...],
    score_col: str = "mean_micro",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Keep-rate / token-mass curve over candidate gate thresholds (the
    FineWeb-Edu-style "where do we cut" ablation): per threshold, the
    documents and token mass with ``score_col`` >= threshold, plus the
    integer-micro token share of the scored corpus.  One |thresholds| x
    rows cross join aggregated immediately — output is |thresholds| rows
    ALWAYS: an empty scored frame emits the full ladder with zero counts
    (the ladder left-joins the aggregate)."""
    m = scored.select(
        F.col(score_col).cast("bigint").alias("__s"),
        F.col(tokens_col).cast("bigint").alias("__t"),
    )
    tot = m.agg(F.sum("__t").cast("bigint").alias("__total"))
    spark = scored.sparkSession
    thr = spark.createDataFrame([(int(t),) for t in thresholds], "thr_micro bigint")
    kept = F.when(F.col("__s") >= F.col("thr_micro"), 1).otherwise(0)
    agg = (
        # broadcast the |thresholds|-row ladder: without the hint this
        # crossJoin plans as a real CartesianProduct (caught by the
        # registry-wide plan guard)
        F.broadcast(thr)
        .crossJoin(m)
        .crossJoin(F.broadcast(tot))
        .groupBy("thr_micro")
        .agg(
            F.coalesce(F.sum(kept), F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce(F.sum(kept * F.col("__t")), F.lit(0))
            .cast("bigint")
            .alias("tokens_kept"),
            F.expr(
                "coalesce(sum(CASE WHEN __s >= thr_micro THEN __t ELSE 0 END), 0)"
                " * 1000000 DIV max(__total)"
            )
            .cast("bigint")
            .alias("token_share_micro"),
        )
    )
    # empty input: the crossJoin aggregate collapses to 0 groups, so the
    # ladder re-enters via LEFT join and every count coalesces to 0 —
    # the docstring's "|thresholds| rows" contract is now literal
    return thr.join(agg, "thr_micro", "left").select(
        "thr_micro",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce(F.col("tokens_kept"), F.lit(0)).cast("bigint").alias("tokens_kept"),
        F.coalesce(F.col("token_share_micro"), F.lit(0))
        .cast("bigint")
        .alias("token_share_micro"),
    )


def stupid_backoff_scores(
    train_docs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha_num: int = 2,
    alpha_den: int = 5,
) -> DataFrame:
    """Stupid-Backoff bigram LM scoring (Brants et al. 2007, "Large
    Language Models in Machine Translation" — the web-scale backoff that
    replaces discounting with a fixed multiplier): score s(w_i | w_{i-1})
    = c2(w_{i-1} w_i) / cprefix(w_{i-1}) when the bigram was seen in
    TRAINING, else alpha * (c1(w_i) + 1) / (T + V) — backing off to the
    add-one unigram with alpha = 0.4 (2/5).  This is the production fix
    the MLE scorer (`bigram_lm_doc_scores`) lacks: an MLE bigram model
    simply cannot score held-out text containing unseen bigrams, which is
    ALL held-out text at corpus scale.

    Train/score split follows the repo's seed convention: fit counts on
    ``train_docs``, score ``docs`` (every doc — training docs back off
    only on cross-split vocabulary).  Returns (doc_id, n_positions,
    n_backoff, backoff_rate_micro, sb_cross_entropy) — the backoff rate
    is itself the domain-shift signal (high rate = the doc's word
    transitions are foreign to the training distribution).  Float policy:
    the per-position -ln uses the same expression order in both engines
    and the doc aggregate is ROUND(avg, 6) — the `bigram_lm_doc_scores`
    precedent.  Sub-2-token docs produce no row.

    100 TB: two training aggregations (bigram, unigram) with map-side
    combine; scoring is one doc-bigram explode joined against the count
    tables (broadcast under the vocabulary-join ceiling); one per-doc
    hash agg.  No UDFs, no windows.
    """
    from bigdata_rags_spark.functions.text import word_shingles, ws_tokens

    tb = train_docs.select(
        F.explode(word_shingles(ws_tokens(F.col(text_col)), 2)).alias("bigram")
    )
    c2 = tb.groupBy("bigram").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    cp = (
        c2.withColumn("w1", F.split("bigram", " ").getItem(0))
        .groupBy("w1")
        .agg(F.sum("c").cast("bigint").alias("cw"))
    )
    tu = train_docs.select(
        F.explode(ws_tokens(F.col(text_col))).alias("w")
    )
    c1 = tu.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    totals = c1.agg(
        F.sum("c1").cast("bigint").alias("t_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("v_tokens"),
    )
    sb = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_shingles(ws_tokens(F.col(text_col)), 2)).alias("bigram"),
        )
        .withColumn("w1", F.split("bigram", " ").getItem(0))
        .withColumn("w2", F.split("bigram", " ").getItem(1))
    )
    scored = (
        sb.join(F.broadcast(c2), "bigram", "left")
        .join(F.broadcast(cp), "w1", "left")
        .join(F.broadcast(c1.withColumnRenamed("w", "w2")), "w2", "left")
        .crossJoin(F.broadcast(totals))
    )
    seen = F.col("c").isNotNull()
    nll = F.when(
        seen, -F.log(F.col("c").cast("double") / F.col("cw").cast("double"))
    ).otherwise(
        -F.log(
            F.lit(alpha_num)
            * (F.coalesce(F.col("c1"), F.lit(0)) + 1).cast("double")
            / (F.lit(alpha_den) * (F.col("t_tokens") + F.col("v_tokens"))).cast(
                "double"
            )
        )
    )
    return (
        scored.withColumn("nll", nll)
        .withColumn("backoff", (~seen).cast("bigint"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_positions"),
            F.sum("backoff").cast("bigint").alias("n_backoff"),
            F.expr("sum(backoff) * 1000000 DIV count(1)")
            .cast("bigint")
            .alias("backoff_rate_micro"),
            F.round(F.avg("nll"), 6).alias("sb_cross_entropy"),
        )
    )
