"""Pretraining-data curation capstone: the full raw-pages -> packed-tokens
funnel as ONE composed plan (the curation tier's counterpart of
`rag_capstone_retrieval`).

Every stage is an operator this repo already ships and oracle-checks on its
own; this module proves they COMPOSE: HTML extraction
(`functions/text.html_extract_text`) -> stopword language ID
(`functions/text.stopword_hits`) -> trained NB quality keep
(`quality.nb_fit_weights` / `nb_score_docs`) -> exact + prefix dedup keepers
(`dedup/exact.py` key rules) -> benchmark n-gram decontamination
(the `benchmark_decontamination` rule) -> UniMax temperature mixture quota
(`operators/sampling.temperature_mixing_plan` turned into a hard per-domain
selection) -> GPT-style sequence packing
(`operators/sampling.sequence_packing_plan` totals).

Extension beyond the reference (SURVEY.md §2 extension tier): the reference
is a relational ETL (`dag-transform.py`) with no text surface; this is the
LLM-pipeline composition a 100 TB curation run actually executes.

100-TB shape: the page payload is scanned ONCE — every per-doc signal
(token count, predicted language, content hash, prefix key, NB bucket sums,
probe-shingle hits) reduces to (doc_id, small ints/hashes) in that pass, and
the funnel itself is id-level algebra on ONE localCheckpoint'ed feature
frame (the CLAUDE.md multi-branch rule: seven stage consumers read it).
The only exchanges after featurization are id- or key-level: two dedup
windows sharing nothing wider than a 32-hex key, a domain-cardinality quota
agg, and the per-shard packing prefix sum.  Text never crosses an exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_rags_spark.functions.text import (
    STOPWORDS,
    content_hash,
    html_extract_text,
    stopword_hits,
    word_shingles,
    ws_tokens,
)
from bigdata_rags_spark.quality import nb_fit_weights, nb_score_docs

#: (stage int, stage_name) rows of the funnel report, in order.
FUNNEL_STAGES = (
    (0, "extracted"),
    (1, "langid"),
    (2, "quality"),
    (3, "dedup"),
    (4, "decontaminated"),
    (5, "mixture_quota"),
    (6, "packed_sequences"),
)


def _predicted_lang(toks) -> F.Column:
    """The `langid_stopword_heuristic` decision rule, inlined on a token
    array column: argmax of per-language stopword hits with the fixed
    en>es>fr>de tie order, 'unknown' when every list misses."""
    hits = {g: stopword_hits(toks, STOPWORDS[g]) for g in ("en", "es", "fr", "de")}
    zero = (
        (hits["en"] == 0) & (hits["es"] == 0) & (hits["fr"] == 0) & (hits["de"] == 0)
    )
    return (
        F.when(zero, "unknown")
        .when(
            (hits["en"] >= hits["es"])
            & (hits["en"] >= hits["fr"])
            & (hits["en"] >= hits["de"]),
            "en",
        )
        .when((hits["es"] >= hits["fr"]) & (hits["es"] >= hits["de"]), "es")
        .when(hits["fr"] >= hits["de"], "fr")
        .otherwise("de")
    )


def curation_funnel_report(
    pages: DataFrame,
    probe_below: int = 5,
    seq_len: int = 512,
    n_shards: int = 4,
    budget_num: int = 1,
    budget_den: int = 2,
    prefix_k: int = 8,
    decon_k: int = 3,
    decon_max_hits: int = 2,
) -> DataFrame:
    """Run the full curation funnel over raw pages (doc_id, lang, source,
    html) and return the per-stage survivor report: (stage int, stage_name,
    n_docs bigint, n_tokens bigint).

    Stages (each a filter on the previous stage's survivors):
      0 extracted        — HTML -> visible text; n_tokens = extracted tokens
      1 langid           — stopword-heuristic language != 'unknown'
      2 quality          — trained-NB score >= 0 (fit on the even-doc_id
                           extracted seed split, y = lang == 'en')
      3 dedup            — doc is BOTH the min-id exact keeper (normalized
                           content hash) and the min-id prefix-``prefix_k``
                           keeper, among stage-2 survivors
      4 decontaminated   — doc_id >= ``probe_below`` (the benchmark probe
                           docs leave the corpus) and < ``decon_max_hits``
                           distinct ``decon_k``-gram shingles shared with
                           the probe set
      5 mixture_quota    — UniMax temperature quota per source over stage-4
                           survivors: alloc = least(n_d, (total *
                           budget_num DIV budget_den) * floor(sqrt(n_d))
                           DIV w_total); keep the ``alloc`` lowest
                           md5('quota:'||id) ranks per source
      6 packed_sequences — GPT-style packing of the survivors: n_docs =
                           total ``seq_len``-token sequences (per-shard
                           ceil), n_tokens = packed tokens (doc tokens + 1
                           EOS each)

    Correctness conventions: every gate is integer/hash arithmetic (the
    module's hash-parity contract); docs with no NB-scorable tokens score
    0 (kept) via the COALESCE rule, identically in the oracle.
    """
    ext = pages.select(
        "doc_id",
        "lang",
        "source",
        html_extract_text(F.col("html")).alias("text"),
    )
    toks = ws_tokens(F.col("text"))
    sig = ext.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).cast("bigint").alias("n_toks"),
        _predicted_lang(toks).alias("predicted_lang"),
        content_hash(F.col("text")).alias("content_hash"),
        F.md5(F.array_join(F.slice(toks, 1, prefix_k), " ")).alias("prefix_key"),
    )
    # trained NB quality: fit on the even-id extracted seed, score everyone
    seed = ext.filter(F.col("doc_id") % 2 == 0).select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"), "text"
    )
    scores = nb_score_docs(ext, nb_fit_weights(seed)).select("doc_id", "score_micro")
    # benchmark decontamination signal (probe set = doc_id < probe_below)
    sh = ext.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(ws_tokens(F.col("text")), decon_k))).alias(
            "shingle"
        ),
    )
    probes = sh.filter(F.col("doc_id") < probe_below).select("shingle").distinct()
    contam = (
        sh.filter(F.col("doc_id") >= probe_below)
        .join(F.broadcast(probes), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_contaminated"))
    )
    # ONE featurized id-level frame serves all seven stage consumers
    # (multi-branch rule: checkpoint, don't rely on exchange reuse)
    feat = (
        sig.join(scores, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            "n_toks",
            "predicted_lang",
            "content_hash",
            "prefix_key",
            F.coalesce(F.col("score_micro"), F.lit(0)).cast("bigint").alias(
                "score_micro"
            ),
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("bigint").alias(
                "n_contaminated"
            ),
        )
        .localCheckpoint()
    )

    s1 = feat.filter(F.col("predicted_lang") != "unknown")
    s2 = s1.filter(F.col("score_micro") >= 0)
    wch = Window.partitionBy("content_hash")
    wpk = Window.partitionBy("prefix_key")
    s3 = (
        s2.withColumn("__mch", F.min("doc_id").over(wch))
        .withColumn("__mpk", F.min("doc_id").over(wpk))
        .filter((F.col("doc_id") == F.col("__mch")) & (F.col("doc_id") == F.col("__mpk")))
        .drop("__mch", "__mpk")
    )
    s4 = s3.filter(
        (F.col("doc_id") >= probe_below) & (F.col("n_contaminated") < decon_max_hits)
    ).localCheckpoint()  # feeds quota agg + rank + its report row

    q = s4.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_d"))
    q = q.withColumn("w", F.floor(F.sqrt(F.col("n_d"))).cast("bigint"))
    qt = q.agg(
        F.sum("n_d").cast("bigint").alias("total"),
        F.sum("w").cast("bigint").alias("w_total"),
    )
    qa = q.crossJoin(F.broadcast(qt)).select(
        "source",
        F.least(
            F.col("n_d"),
            F.expr(f"(total * {budget_num} DIV {budget_den}) * w DIV w_total"),
        )
        .cast("bigint")
        .alias("alloc"),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.concat(F.lit("quota:"), F.col("doc_id").cast("string"))),
            F.col("doc_id"),
        )
    )
    s5 = (
        s4.withColumn("__rk", rk)
        .join(F.broadcast(qa), "source")
        .filter(F.col("__rk") <= F.col("alloc"))
        .drop("__rk", "alloc")
        .localCheckpoint()  # feeds packing aggs + its report row
    )

    # packing totals: shard streams of (n_toks + 1) cut into seq_len chunks
    p = s5.select(
        (F.col("n_toks") + 1).cast("bigint").alias("nt"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % n_shards
        ).alias("shard"),
    )
    packed = (
        p.groupBy("shard")
        .agg(F.sum("nt").cast("bigint").alias("st"))
        .agg(
            F.coalesce(F.sum(F.expr(f"(st + {seq_len - 1}) DIV {seq_len}")), F.lit(0))
            .cast("bigint")
            .alias("n_docs"),
            F.coalesce(F.sum("st"), F.lit(0)).cast("bigint").alias("n_tokens"),
        )
    )

    def stage_row(df: DataFrame, stage: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(stage).cast("int").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("n_toks"), F.lit(0)).cast("bigint").alias("n_tokens"),
        )

    frames = {0: feat, 1: s1, 2: s2, 3: s3, 4: s4, 5: s5}
    report = None
    for stage, name in FUNNEL_STAGES[:-1]:
        row = stage_row(frames[stage], stage, name)
        report = row if report is None else report.unionByName(row)
    final_stage, final_name = FUNNEL_STAGES[-1]
    return report.unionByName(
        packed.select(
            F.lit(final_stage).cast("int").alias("stage"),
            F.lit(final_name).alias("stage_name"),
            "n_docs",
            "n_tokens",
        )
    )


def cross_modal_image_gate(
    h: DataFrame,
    docs: DataFrame,
    prefix_k: int = 8,
    max_hamming: int = 7,
) -> DataFrame:
    """CROSS-MODAL dedup gate: drop documents whose attached IMAGE is a
    near-dup of a lower-id kept document's image, even when their text
    differs — the image-level re-post case text dedup misses (same
    meme/photo, new caption).

    ``h`` is a 128-bit image-hash frame (doc_id, w0..w3) — the
    `multimodal/codecs.image_ahash128` output; ``docs`` carries (doc_id,
    text).  Image near-dup pairs come from the shared banded-Hamming join,
    clusters from connected components, and the keeper is each cluster's
    min id (the `fuzzy_dedup_surviving_docs` survival rule applied to the
    image modality).  Returns the DROPPED set: (doc_id, image_keeper_id,
    caught_by_text int) where caught_by_text = 1 iff text prefix-dedup
    would have caught the doc anyway — 0 rows are the gate's novel
    catches, the report a pipeline reviews before enabling the gate.

    100 TB shape: pairs are band-bounded (never all-pairs), CC is the
    3-tier label-propagation contract (`dedup/clusters.py`), and the text
    side reduces to a 32-hex prefix key before its window — images and
    text never cross an exchange."""
    from bigdata_rags_spark.dedup.clusters import connected_components
    from bigdata_rags_spark.dedup.hamming import banded_hamming_pairs

    edges = banded_hamming_pairs(h, max_hamming=max_hamming).select(
        "doc_a", "doc_b"
    )
    clusters = connected_components(edges)
    img_losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id", F.col("cluster_id").alias("image_keeper_id")
    )
    toks = ws_tokens(F.col("text"))
    pk = docs.select(
        "doc_id", F.md5(F.array_join(F.slice(toks, 1, prefix_k), " ")).alias("pk")
    )
    wp = Window.partitionBy("pk")
    text_losers = (
        pk.withColumn("__min", F.min("doc_id").over(wp))
        .withColumn("__cnt", F.count(F.lit(1)).over(wp))
        .filter((F.col("__cnt") > 1) & (F.col("doc_id") != F.col("__min")))
        .select("doc_id")
    )
    return img_losers.join(
        text_losers.withColumn("__t", F.lit(1)), "doc_id", "left"
    ).select(
        "doc_id",
        "image_keeper_id",
        F.coalesce(F.col("__t"), F.lit(0)).cast("int").alias("caught_by_text"),
    )


def incremental_curation_funnel_report(
    batch_pages: DataFrame,
    stored_docs: DataFrame,
    probe_below: int = 5,
    seq_len: int = 512,
    n_shards: int = 4,
    budget_num: int = 1,
    budget_den: int = 1,
    prefix_k: int = 8,
    decon_k: int = 3,
    decon_max_hits: int = 2,
) -> DataFrame:
    """INCREMENTAL curation funnel — the production shape of
    `curation_funnel_report`: a NEW crawl batch (raw HTML pages) is
    curated AGAINST the accumulated kept corpus instead of in isolation
    (daily increments never re-curate the store).  Same stage ladder and
    report schema, batch-only survivor counts:

      0 extracted        — batch HTML -> text
      1 langid           — stopword heuristic != 'unknown'
      2 quality          — scored with the STORE's classifier (NB fit on
                           the stored even-id seed — frozen-model rule:
                           an increment never refits the gate it is
                           judged by, the two-widths discipline of the
                           incremental ANN family)
      3 dedup            — batch doc dies if its content hash OR prefix
                           key already exists in the STORE (the store's
                           compact key index is the only stored state the
                           gate reads — text never ships), or if it is
                           not the min-id keeper of its intra-batch
                           cluster (both key families)
      4 decontaminated   — probe set = doc_id < ``probe_below`` over
                           store + batch (the benchmark is global)
      5 mixture_quota    — UniMax allocation on COMBINED per-source
                           counts (stored + batch survivors); the store
                           consumes its share first, the batch keeps at
                           most alloc_d - stored_d docs per source (the
                           store is already-kept mass, never re-sampled).
                           Default budget 1/1 = one epoch over the
                           combined corpus: with tighter budgets a mature
                           store saturates every source's allocation and
                           the increment legitimately keeps nothing
      6 packed_sequences — the surviving increment packed for training

    ``stored_docs`` carries (doc_id, lang, source, text).  100-TB shape:
    the store contributes ONE pass producing id-level keys, seed-split NB
    counts, probe shingles, and per-source counts — all compact
    aggregates a real store would persist; the batch side is the capstone
    plan.  No stage joins batch text against store text.
    """
    _, frames, packed = _incremental_funnel(
        batch_pages, stored_docs, probe_below, seq_len, n_shards,
        budget_num, budget_den, prefix_k, decon_k, decon_max_hits,
    )

    def stage_row(df: DataFrame, stage: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(stage).cast("int").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("n_toks"), F.lit(0)).cast("bigint").alias("n_tokens"),
        )

    report = None
    for stage, name in FUNNEL_STAGES[:-1]:
        row = stage_row(frames[stage], stage, name)
        report = row if report is None else report.unionByName(row)
    final_stage, final_name = FUNNEL_STAGES[-1]
    return report.unionByName(
        packed.select(
            F.lit(final_stage).cast("int").alias("stage"),
            F.lit(final_name).alias("stage_name"),
            "n_docs",
            "n_tokens",
        )
    )


def incremental_curation_keepers(
    batch_pages: DataFrame,
    stored_docs: DataFrame,
    probe_below: int = 5,
    seq_len: int = 512,
    n_shards: int = 4,
    budget_num: int = 1,
    budget_den: int = 1,
    prefix_k: int = 8,
    decon_k: int = 3,
    decon_max_hits: int = 2,
) -> DataFrame:
    """The KEEPER set of one increment — exactly the documents
    `incremental_curation_funnel_report` counts at stage 5
    (mixture_quota), carried as (doc_id, lang, source, text) so they can
    be appended to the kept store.  Shares the funnel's stage frames
    (`_incremental_funnel`) with the report, so the counted survivors and
    the stored survivors can never drift apart."""
    ext, frames, _ = _incremental_funnel(
        batch_pages, stored_docs, probe_below, seq_len, n_shards,
        budget_num, budget_den, prefix_k, decon_k, decon_max_hits,
    )
    return frames[5].select("doc_id").join(ext, "doc_id").select(
        "doc_id", "lang", "source", "text"
    )


def _incremental_funnel(
    batch_pages: DataFrame,
    stored_docs: DataFrame,
    probe_below: int,
    seq_len: int,
    n_shards: int,
    budget_num: int,
    budget_den: int,
    prefix_k: int,
    decon_k: int,
    decon_max_hits: int,
):
    """Stage frames of the incremental funnel — the shared body of
    `incremental_curation_funnel_report` (counts) and
    `incremental_curation_keepers` (surviving documents).  Returns
    (ext, {stage: frame}, packed)."""
    ext = batch_pages.select(
        "doc_id", "lang", "source", html_extract_text(F.col("html")).alias("text")
    )
    toks = ws_tokens(F.col("text"))
    sig = ext.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).cast("bigint").alias("n_toks"),
        _predicted_lang(toks).alias("predicted_lang"),
        content_hash(F.col("text")).alias("content_hash"),
        F.md5(F.array_join(F.slice(toks, 1, prefix_k), " ")).alias("prefix_key"),
    )
    # the STORE's frozen classifier: fit on stored even-id seed only
    seed = stored_docs.filter(F.col("doc_id") % 2 == 0).select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"), "text"
    )
    scores = nb_score_docs(ext, nb_fit_weights(seed)).select("doc_id", "score_micro")
    # global probe set (store + batch) -> batch contamination hits
    stoks = ws_tokens(F.col("text"))
    all_sh = stored_docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(stoks, decon_k))).alias("shingle"),
    ).unionByName(
        ext.select(
            "doc_id",
            F.explode(F.array_distinct(word_shingles(ws_tokens(F.col("text")), decon_k))).alias(
                "shingle"
            ),
        )
    )
    probes = all_sh.filter(F.col("doc_id") < probe_below).select("shingle").distinct()
    contam = (
        ext.select(
            "doc_id",
            F.explode(
                F.array_distinct(word_shingles(ws_tokens(F.col("text")), decon_k))
            ).alias("shingle"),
        )
        .filter(F.col("doc_id") >= probe_below)
        .join(F.broadcast(probes), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_contaminated"))
    )
    # the store's compact state: dedup key index + per-source kept counts
    stoks2 = ws_tokens(F.col("text"))
    store_keys = stored_docs.select(
        content_hash(F.col("text")).alias("content_hash"),
        F.md5(F.array_join(F.slice(stoks2, 1, prefix_k), " ")).alias("prefix_key"),
    ).localCheckpoint()  # feeds two anti-join branches
    store_counts = stored_docs.groupBy(F.col("source")).agg(
        F.count(F.lit(1)).cast("bigint").alias("stored_d")
    )

    feat = (
        sig.join(scores, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_toks",
            "predicted_lang",
            "content_hash",
            "prefix_key",
            F.coalesce(F.col("score_micro"), F.lit(0)).cast("bigint").alias(
                "score_micro"
            ),
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("bigint").alias(
                "n_contaminated"
            ),
        )
        .localCheckpoint()
    )
    s1 = feat.filter(F.col("predicted_lang") != "unknown")
    s2 = s1.filter(F.col("score_micro") >= 0)
    # vs-store first (anti-joins on the key index), then intra-batch keepers
    s3v = s2.join(
        store_keys.select("content_hash").distinct(), "content_hash", "left_anti"
    ).join(store_keys.select("prefix_key").distinct(), "prefix_key", "left_anti")
    wch = Window.partitionBy("content_hash")
    wpk = Window.partitionBy("prefix_key")
    s3 = (
        s3v.withColumn("__mch", F.min("doc_id").over(wch))
        .withColumn("__mpk", F.min("doc_id").over(wpk))
        .filter(
            (F.col("doc_id") == F.col("__mch")) & (F.col("doc_id") == F.col("__mpk"))
        )
        .drop("__mch", "__mpk")
    )
    s4 = s3.filter(
        (F.col("doc_id") >= probe_below) & (F.col("n_contaminated") < decon_max_hits)
    ).localCheckpoint()

    # combined UniMax quota: store consumes its share first
    batch_counts = s4.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("batch_d")
    )
    q = (
        store_counts.join(batch_counts, "source", "outer")
        .select(
            "source",
            F.coalesce(F.col("stored_d"), F.lit(0)).cast("bigint").alias("stored_d"),
            F.coalesce(F.col("batch_d"), F.lit(0)).cast("bigint").alias("batch_d"),
        )
        .withColumn("n_total", F.expr("stored_d + batch_d"))
        .withColumn("w", F.floor(F.sqrt(F.col("n_total"))).cast("bigint"))
    )
    qt = q.agg(
        F.sum("n_total").cast("bigint").alias("total"),
        F.sum("w").cast("bigint").alias("w_total"),
    )
    qa = q.crossJoin(F.broadcast(qt)).select(
        "source",
        F.greatest(
            F.lit(0).cast("bigint"),
            F.least(
                F.col("n_total"),
                F.expr(f"(total * {budget_num} DIV {budget_den}) * w DIV w_total"),
            )
            - F.col("stored_d"),
        )
        .cast("bigint")
        .alias("batch_alloc"),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.concat(F.lit("quota:"), F.col("doc_id").cast("string"))),
            F.col("doc_id"),
        )
    )
    s5 = (
        s4.withColumn("__rk", rk)
        .join(F.broadcast(qa), "source")
        .filter(F.col("__rk") <= F.col("batch_alloc"))
        .drop("__rk", "batch_alloc")
        .localCheckpoint()
    )
    p = s5.select(
        (F.col("n_toks") + 1).cast("bigint").alias("nt"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % n_shards
        ).alias("shard"),
    )
    packed = (
        p.groupBy("shard")
        .agg(F.sum("nt").cast("bigint").alias("st"))
        .agg(
            F.coalesce(F.sum(F.expr(f"(st + {seq_len - 1}) DIV {seq_len}")), F.lit(0))
            .cast("bigint")
            .alias("n_docs"),
            F.coalesce(F.sum("st"), F.lit(0)).cast("bigint").alias("n_tokens"),
        )
    )
    frames = {0: feat, 1: s1, 2: s2, 3: s3, 4: s4, 5: s5}
    return ext, frames, packed
