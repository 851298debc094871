"""BM25 ranking + hybrid lexical/vector retrieval — the RAG-serving surface.

BM25 (Robertson/Spärck Jones; the Okapi formulation) over the corpus:

    score(D, Q) = sum_t idf(t) * tf(t,D) * (k1+1)
                  / (tf(t,D) + k1 * (1 - b + b * |D|/avgdl))
    idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)

computed from each document's token array in the row that holds it: |D| is
the array's size and tf(t,D) the count of t in it, so scoring is a narrow
projection with no (doc, token) explode and no shuffle of tokens.
``hybrid_search`` fuses the normalized lexical score with embedding cosine
similarity — the standard RAG retrieval pattern (sparse + dense, weighted
sum).

Scale discipline:

- **Fully lazy.**  N, avgdl and every query term's df are ONE 1-row
  aggregate over the corpus, broadcast into the scoring projection — ZERO
  driver-side ``count()``/``collect()`` actions; building the DataFrame
  launches no jobs.  The corpus is scanned twice (the aggregate and the
  scoring pass), and only 1-row results move between them.
- **Top-k is ``orderBy().limit(k)``** → ``TakeOrderedAndProject`` (per-
  partition heaps + driver merge of k rows), never a ``row_number`` over an
  unpartitioned window that would funnel every scored doc through one task.
  The rank column is attached AFTER the limit, so the only global window in
  the plan sees exactly k rows.  Pinned by ``tests/test_plans.py``.

The other rankers here (RM3, query likelihood, proximity) keep their
exploded (doc, token) relations.

All arithmetic is double, rounded only at the output, and deterministic per
the catalog's parity discipline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdata_rags_spark.functions.text import ws_tokens
from bigdata_rags_spark.functions.vectors import as_double_array, dot, norm

K1 = 1.2
B = 0.75


def _ranked_topk(df: DataFrame, order: list[Column], k: int, rank_col: str = "rnk") -> DataFrame:
    """Attach a 1-based rank AFTER an orderBy().limit(k).

    The limit plans as TakeOrderedAndProject (distributed per-partition
    heaps); the unpartitioned row_number window then runs over <= k rows —
    a single k-row task, not a corpus funnel.
    """
    top = df.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return top.withColumn(rank_col, F.row_number().over(w))


def bm25_all_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Every matching doc's BM25 score: (doc_id, bm25, matched_terms).

    Lazy end to end.  Each doc's token array yields its length and every
    query term's tf in the row that holds it; N, avgdl and each term's df
    come from one 1-row aggregate broadcast into the scoring projection,
    exactly mirroring the oracle SQL's ``CROSS JOIN stats CROSS JOIN avgl``.
    A repeated query term counts once; a doc with NULL text has no tokens
    (it counts in N only) and a doc matching no term has no row.
    """
    terms = list(dict.fromkeys(query_terms))
    t = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).isNotNull().alias("has_text"),
        ws_tokens(F.col(text_col)).alias("toks"),
    )
    toks = F.col("toks")
    stats = t.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.when(F.col("has_text"), F.size(toks))).alias("avgdl"),
        *[
            F.count(F.when(F.array_contains(toks, term), 1)).alias(f"df{i}")
            for i, term in enumerate(terms)
        ],
    )
    # tf columns in their own projection, so each array scan runs once
    per_doc = t.filter("has_text").select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[
            F.size(F.filter(toks, lambda x: x == term)).alias(f"tf{i}")
            for i, term in enumerate(terms)
        ],
    )

    def term_score(i: int) -> Column:
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log((F.col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
        okapi = idf * (tf * (K1 + 1)) / (tf + K1 * (1 - B + B * F.col("dl") / F.col("avgdl")))
        return F.when(tf > 0, okapi).otherwise(F.lit(0.0))

    ids = range(len(terms))
    scored = per_doc.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        sum((term_score(i) for i in ids), F.lit(0.0)).alias("raw"),
        sum((F.when(F.col(f"tf{i}") > 0, 1).otherwise(0) for i in ids), F.lit(0))
        .cast("bigint")
        .alias("matched_terms"),
    )
    # every matched term scores > 0 (idf > 0), so raw > 0 keeps exactly the
    # matching docs; unlike matched_terms it reads the stats, so the filter
    # stays above the join instead of re-tokenizing below the tf projection
    return scored.filter(F.col("raw") > 0).select(
        "doc_id", F.round("raw", 6).alias("bm25"), "matched_terms"
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Top-k docs for a bag-of-words query by BM25 (k1=1.2, b=0.75)."""
    scored = bm25_all_scores(docs, query_terms, id_col=id_col, text_col=text_col)
    return _ranked_topk(scored, [F.col("bm25").desc(), F.col("doc_id")], k).select(
        "doc_id", "bm25", "matched_terms", "rnk"
    )


def hybrid_search(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Hybrid RAG retrieval: alpha * normalized-BM25 + (1-alpha) * cosine.

    The lexical side ranks by terms; the dense side scores every doc against
    the query vector (documents and embeddings align by id).  BM25 is
    normalized by the query's max score — a broadcast 1-row aggregate, not
    an empty-partition window — so both signals live in [0, 1] before
    fusion.  Fully join-based, fully lazy; the final top-k is
    TakeOrderedAndProject.
    """
    scored = bm25_all_scores(docs, query_terms, id_col=id_col)
    max_bm25 = scored.agg(F.max("bm25").alias("max_bm25"))
    lexical = (
        scored.crossJoin(F.broadcast(max_bm25))
        .select(
            "doc_id",
            "bm25",
            (F.col("bm25") / F.nullif(F.col("max_bm25"), F.lit(0.0))).alias("lex_norm"),
        )
    )

    qv = embeddings.filter(F.col(vec_id_col) == query_vec_id).select(
        as_double_array(F.col("embedding")).alias("qv")
    )
    dense = (
        embeddings.select(
            F.col(vec_id_col).alias("doc_id"), as_double_array(F.col("embedding")).alias("cv")
        )
        .crossJoin(F.broadcast(qv))
        .withColumn("cosine", dot(F.col("qv"), F.col("cv")) / norm(F.col("qv")) / norm(F.col("cv")))
        .select("doc_id", "cosine")
    )
    fused = (
        dense.join(lexical, "doc_id", "left")
        .select(
            "doc_id",
            F.round(F.coalesce(F.col("bm25"), F.lit(0.0)), 6).alias("bm25"),
            F.round(F.col("cosine"), 6).alias("cosine"),
            F.round(
                F.lit(alpha) * F.coalesce(F.col("lex_norm"), F.lit(0.0))
                + F.lit(1 - alpha) * F.col("cosine"),
                6,
            ).alias("hybrid_score"),
        )
    )
    return _ranked_topk(fused, [F.col("hybrid_score").desc(), F.col("doc_id")], k).select(
        "doc_id", "bm25", "cosine", "hybrid_score", "rnk"
    )


def rrf_search(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int,
    k: int = 10,
    list_len: int = 50,
    k0: int = 60,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke, Buettcher, "Reciprocal rank
    fusion outperforms Condorcet and individual rank learning methods",
    SIGIR 2009): fuse the lexical and dense lists by RANK, not score —
    rrf(d) = sum over lists of 1/(k0 + rank_list(d)).  The standard
    alternative to `hybrid_search`'s weighted-sum when the two score
    distributions aren't calibrated against each other (BM25 is unbounded,
    cosine lives in [-1, 1]); k0=60 is the paper's setting.

    Exactness contract: contributions are INTEGER micro-units
    (1e12 div (k0 + rank)), so the fused score is an exact bigint sum —
    no float fusion drift — and ranks order by (rounded score, id), making
    every stage oracle-replayable.  Scale shape: each list is a bounded
    top-``list_len`` (TakeOrderedAndProject), the rank windows run on
    ``list_len`` rows, and the fusion is a full-outer equi-join of two
    tiny lists.
    """
    scored = bm25_all_scores(docs, query_terms, id_col=id_col)
    lex = _ranked_topk(
        scored, [F.desc("bm25"), F.asc("doc_id")], list_len, "r_lex"
    ).select("doc_id", F.col("r_lex").cast("bigint").alias("r_lex"))

    qv = embeddings.filter(F.col(vec_id_col) == query_vec_id).select(
        as_double_array(F.col("embedding")).alias("qv")
    )
    dense_scored = (
        embeddings.select(
            F.col(vec_id_col).alias("doc_id"),
            as_double_array(F.col("embedding")).alias("cv"),
        )
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / norm(F.col("qv")) / norm(F.col("cv")), 6
            ).alias("cosine"),
        )
    )
    dense = _ranked_topk(
        dense_scored, [F.desc("cosine"), F.asc("doc_id")], list_len, "r_dense"
    ).select("doc_id", F.col("r_dense").cast("bigint").alias("r_dense"))

    fused = lex.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        "r_lex",
        "r_dense",
        (
            F.coalesce(F.expr(f"1000000000000 div ({k0} + r_lex)"), F.lit(0))
            + F.coalesce(F.expr(f"1000000000000 div ({k0} + r_dense)"), F.lit(0))
        ).cast("bigint").alias("rrf_micro"),
    )
    return _ranked_topk(
        fused, [F.desc("rrf_micro"), F.asc("doc_id")], k
    ).withColumn("rnk", F.col("rnk").cast("int"))


def rm3_expanded_search(
    docs: DataFrame,
    query_terms: list[str],
    fb_k: int = 10,
    n_expansion: int = 10,
    alpha_micro: int = 500_000,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pseudo-relevance feedback / RM3 query expansion (Lavrenko & Croft
    2001, "Relevance-based language models"; the RM3 interpolation is the
    standard Anserini/Indri formulation) — the feedback rung the retrieval
    ladder (BM25 -> QL -> hybrid -> RRF -> MMR) was missing:

    1. first pass: BM25 top ``fb_k`` docs for the original query;
    2. relevance model over the feedback set with a uniform document
       prior: ``w(t) = sum_D tf(t, D) / |D|`` — here integer micro
       (``sum(tf * 1e6 DIV dl)``), never a float, so both engines agree
       bit-for-bit;
    3. expansion terms: top ``n_expansion`` non-query terms by
       (w_micro desc, token asc);
    4. RM3 interpolation: original terms carry
       ``(1e6 - alpha_micro) DIV |Q|`` micro each, expansion terms share
       ``alpha_micro`` proportionally to w (``alpha * w DIV sum_w``);
    5. second pass: weighted BM25 — each term's Okapi score is scaled by
       its query-model weight (one float multiply in a pinned order,
       rounded once) and summed; top ``k`` by (rm3 desc, doc_id).

    Returns (doc_id, rm3_score, bm25_orig, matched_terms, rnk) — the
    re-ranked list with the first-pass score alongside, so both rankings
    are reported in one frame.  A synonym-shifted relevant doc that
    shares NO original query term (bm25_orig = 0) can enter the RM3
    top-k purely through expansion terms — the planted-recovery test.

    Scale shape: ONE corpus tokenization shuffle; the per-(doc, token)
    relation is ``localCheckpoint``-ed because it feeds four plan
    branches (first-pass tf, feedback weights, second-pass tf, expanded
    dfreq — the CLAUDE.md multi-branch rule); everything derived from the
    feedback set is fb_k- or n_expansion-bounded and broadcast; both
    top-k stages are TakeOrderedAndProject.  The feedback loop is
    inherently two-pass — no single-plan formulation avoids scanning the
    token relation twice, which is exactly what the checkpoint amortizes.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ws_tokens(F.col(text_col))).alias("token"),
    )
    pdt = (
        toks.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .localCheckpoint()
    )
    dl = pdt.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))

    def okapi_term_scores(tf: DataFrame) -> DataFrame:
        """(doc_id, token, s): the per-term Okapi BM25 contribution, df
        derived from the given (doc, token, tf) subset."""
        dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        idf = F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        )
        return (
            tf.join(F.broadcast(dfreq), "token")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(n_docs))
            .crossJoin(F.broadcast(avgdl))
            .select(
                "doc_id",
                "token",
                (
                    idf
                    * (F.col("tf") * (K1 + 1))
                    / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl")))
                ).alias("s"),
            )
        )

    # pass 1: plain BM25, feedback set = top fb_k
    bm25_q = (
        okapi_term_scores(pdt.filter(F.col("token").isin(query_terms)))
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 6).alias("bm25_orig"))
    )
    fb = (
        _ranked_topk(bm25_q, [F.desc("bm25_orig"), F.asc("doc_id")], fb_k, "r_fb")
        .select("doc_id")
    )

    # relevance-model weights over the feedback docs (integer micro)
    w = (
        pdt.join(F.broadcast(fb), "doc_id")
        .join(dl, "doc_id")
        .filter(~F.col("token").isin(query_terms))
        .groupBy("token")
        .agg(F.sum(F.expr("tf * 1000000 DIV dl")).cast("bigint").alias("w_micro"))
    )
    exp_terms = _ranked_topk(
        w, [F.desc("w_micro"), F.asc("token")], n_expansion, "r_exp"
    ).select("token", "w_micro")
    sum_w = exp_terms.agg(F.sum("w_micro").cast("bigint").alias("tot"))
    exp_weights = exp_terms.crossJoin(F.broadcast(sum_w)).select(
        "token",
        F.expr(f"{alpha_micro} * w_micro DIV tot").cast("bigint").alias("qw_micro"),
    )
    orig_micro = (1_000_000 - alpha_micro) // len(query_terms)
    spark = docs.sparkSession
    orig_weights = spark.createDataFrame(
        [(t, orig_micro) for t in query_terms], "token string, qw_micro bigint"
    )
    weights = orig_weights.unionByName(exp_weights)

    # pass 2: weighted BM25 over the expanded query model
    rescored = (
        okapi_term_scores(pdt.join(F.broadcast(weights.select("token")), "token"))
        .join(F.broadcast(weights), "token")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("qw_micro") / F.lit(1_000_000.0) * F.col("s")), 6).alias(
                "rm3_score"
            ),
            F.count(F.lit(1)).cast("bigint").alias("matched_terms"),
        )
    )
    out = rescored.join(bm25_q, "doc_id", "left").select(
        "doc_id",
        "rm3_score",
        F.coalesce(F.col("bm25_orig"), F.lit(0.0)).alias("bm25_orig"),
        "matched_terms",
    )
    return _ranked_topk(out, [F.desc("rm3_score"), F.asc("doc_id")], k).withColumn(
        "rnk", F.col("rnk").cast("int")
    )


MU = 2000.0  # Dirichlet prior mass (Zhai & Lafferty's standard default)


def query_likelihood_scores(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    mu: float = MU,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing (Zhai & Lafferty
    2001) — the language-modeling IR family next to BM25's probabilistic
    one:

        score(D, Q) = sum_t ln( (tf(t,D) + mu * p_c(t)) / (|D| + mu) )

    where p_c(t) is the collection unigram probability.  Unlike BM25,
    EVERY query term contributes to every document (tf = 0 terms pull the
    score toward the collection model), so the grid is |docs| x |terms| —
    built as dl CROSS JOIN the tiny broadcast term stats, LEFT JOIN tf.
    Terms absent from the whole collection are dropped (p_c = 0 would be
    ln(0); the standard convention).

    Scale discipline: one tokenization shuffle, 1-row aggregates
    broadcast into the plan (no driver actions), ``orderBy().limit(k)`` ->
    TakeOrderedAndProject.  Float op order is fixed (mu * cf / ctot, one
    ln, ROUND at the output) per the catalog parity discipline.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(ws_tokens(F.col(text_col))).alias("token")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("dl"))
    ctot = toks.agg(F.count(F.lit(1)).cast("bigint").alias("ctot"))
    term_df = toks.filter(F.col("token").isin(terms))
    cf = term_df.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("cf"))
    tf = term_df.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    grid = (
        dl.crossJoin(F.broadcast(cf))  # cf only has collection-present terms
        .crossJoin(F.broadcast(ctot))
        .join(tf, ["doc_id", "token"], "left")
        .select(
            "doc_id",
            "dl",
            F.log(
                (F.coalesce(F.col("tf"), F.lit(0)) + F.lit(mu) * F.col("cf") / F.col("ctot"))
                / (F.col("dl") + F.lit(mu))
            ).alias("s"),
            F.when(F.col("tf").isNotNull(), 1).otherwise(0).alias("hit"),
        )
    )
    scored = grid.groupBy("doc_id").agg(
        F.round(F.sum("s"), 6).alias("ql_score"),
        F.sum("hit").cast("bigint").alias("matched_terms"),
    )
    return _ranked_topk(
        scored, [F.col("ql_score").desc(), F.col("doc_id")], k
    ).select("doc_id", "ql_score", "matched_terms", F.col("rnk").cast("int").alias("rnk"))


def proximity_boosted_search(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    bonus_num: int = 2000,
) -> DataFrame:
    """BM25 with a POSITIONAL proximity boost — the classic phrase/
    proximity ranking refinement (Büttcher et al.'s proximity-enhanced
    BM25 family, public): documents where distinct query terms occur
    CLOSE together outrank bag-of-words ties, because `"stream join"` as
    a phrase is stronger evidence than the words a page apart.

    min_pair_dist = the minimum token-index distance between occurrences
    of two DIFFERENT query terms.  Computed exactly with ONE window: sort
    the doc's query-term positions, LAG one step, keep rows where the
    term changed — the closest differing-term pair is always adjacent in
    position order (if a closer non-adjacent pair existed, whatever sits
    between its endpoints would form a yet-closer differing pair with one
    of them).  boost_milli = bonus_num DIV min_pair_dist (0 when fewer
    than two distinct terms match); score_milli = FLOOR(bm25 * 1000) +
    boost_milli — explicit FLOOR on both engines (the r13 double->bigint
    cast rule), rank by (score_milli DESC, doc_id).

    Scale shape: positions come from one row-local posexplode filtered to
    the query terms BEFORE any exchange (the inverted-index projection);
    the window partitions by doc over only matching positions — per-doc
    rows are query-term occurrences, not document length.
    """
    from pyspark.sql import Window

    scored = bm25_all_scores(docs, query_terms, id_col=id_col, text_col=text_col)
    pos = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(ws_tokens(F.col(text_col))).alias("pos", "token"),
    ).filter(F.col("token").isin(query_terms))
    w = Window.partitionBy("doc_id").orderBy("pos")
    mind = (
        pos.withColumn("pt", F.lag("token").over(w))
        .withColumn("pp", F.lag("pos").over(w))
        .filter(F.col("token") != F.col("pt"))
        .groupBy("doc_id")
        .agg(F.min(F.col("pos") - F.col("pp")).cast("bigint").alias("min_pair_dist"))
    )
    boosted = (
        scored.join(mind, "doc_id", "left")
        .withColumn(
            "prox_boost_milli",
            F.expr(
                f"CASE WHEN min_pair_dist IS NOT NULL"
                f" THEN {bonus_num} DIV min_pair_dist ELSE 0 END"
            ).cast("bigint"),
        )
        .withColumn(
            "score_milli",
            F.expr("CAST(FLOOR(bm25 * 1000) AS BIGINT) + prox_boost_milli"),
        )
    )
    return _ranked_topk(
        boosted, [F.col("score_milli").desc(), F.col("doc_id")], k
    ).select(
        "doc_id", "bm25", "matched_terms",
        F.coalesce(F.col("min_pair_dist"), F.lit(0)).cast("bigint").alias(
            "min_pair_dist"
        ),
        "prox_boost_milli", "score_milli", "rnk",
    )
